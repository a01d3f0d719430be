"""Run-time plumbing shared by the workloads: the Spark session the
benchmark starts (and stops), the closed-loop client driver, result
canonicalisation for the correctness checks, and host probes
(``/proc/stat`` steal, ``VmHWM`` peak RSS)."""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# host probes
# ---------------------------------------------------------------------------

def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of ``pid`` in kB, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ---------------------------------------------------------------------------
# Spark session lifecycle
# ---------------------------------------------------------------------------

def start_spark(cpus: int):
    """Start the engine's own session factory; returns (spark, seconds)."""
    from akumuli_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus)
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, then the JVM and every process under it (Python
    workers), and wait until all of them have exited."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    pids = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None and proc.poll() is None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout_s)
            except Exception:  # noqa: BLE001 - escalate to kill
                proc.kill()
                proc.wait(timeout_s)
        deadline = time.monotonic() + timeout_s
        for pid in pids:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                os.kill(pid, 9)


# ---------------------------------------------------------------------------
# correctness: order-insensitive digests with rounded floats
# ---------------------------------------------------------------------------

#: tie-break offset for rounding: data values are short decimals and their
#: small-denominator means, so none lies within floating-point noise of
#: this offset, and a last-bit difference between two engines' sums can
#: never flip the rounded digit (a plain half-up tie can)
_TIE = 0.50031830988618379
_SIG = 6


def _round_sig(v: float) -> str:
    """``v`` rounded to :data:`_SIG` significant digits, as an exact
    ``<mantissa>e<exp>`` string."""
    if v == 0.0 or math.isinf(v):
        return repr(v)
    e = math.floor(math.log10(abs(v))) - (_SIG - 1)
    m = math.floor(abs(v) / 10.0**e + _TIE)
    if m >= 10**_SIG:  # log10 landed just below a power of ten
        m, e = m // 10, e + 1
    while m and m % 10 == 0:  # one spelling per value
        m, e = m // 10, e + 1
    return f"{'-' if v < 0 else ''}{m}e{e}"


def _canon_field(v) -> str:
    if v is None:
        return "<null>"
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, float):
        return "<null>" if math.isnan(v) else _round_sig(v)
    return str(v)


def digest_rows(rows) -> tuple[str, int]:
    """(sha1, n) of a bag of row tuples; floats rounded to 6 significant
    digits, NaN ≡ NULL, row order ignored."""
    lines = sorted("\x1f".join(_canon_field(v) for v in r) for r in rows)
    h = hashlib.sha1("\n".join(lines).encode()).hexdigest()
    return h, len(lines)


def csv_rows(lines) -> list[tuple]:
    """Split ``output.format.to_csv`` lines back into typed fields so the
    digest can round floats (the formatter prints full ``repr``)."""
    out = []
    for line in lines:
        fields = []
        for tok in line.split(", "):
            try:
                fields.append(float(tok))
            except ValueError:
                fields.append(tok)
        out.append(tuple(fields))
    return out


def pandas_rows(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    return list(pdf[cols].itertuples(index=False, name=None))


# ---------------------------------------------------------------------------
# closed-loop driver
# ---------------------------------------------------------------------------

@dataclass
class Op:
    key: str            # stable id of the request (same key ⇒ same answer)
    kind: str           # request family, for the mix histogram
    fn: object          # () -> digest (sha1, rows)
    layer: str = ""     # span name the op's own time is charged to


@dataclass
class OpResult:
    key: str
    kind: str
    start: float
    end: float
    ok: bool
    digest: tuple | None = None
    error: str = ""
    spark: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Runner:
    """Executes ops, optionally traced (one request id and one Spark job
    group per op, so job/stage/task counts attribute to the op)."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self._n = 0
        self._lock = threading.Lock()

    def run(self, op: Op) -> OpResult:
        with self._lock:
            self._n += 1
            rid = f"r{self._n}"
        sc = self.spark.sparkContext
        traced = self.tracer.enabled
        if traced:
            sc.setJobGroup(rid, op.key, False)
        t0 = time.perf_counter()
        ok, dig, err = True, None, ""
        try:
            if traced:
                with self.tracer.request(rid), self.tracer.span(op.layer or op.kind):
                    dig = op.fn()
            else:
                dig = op.fn()
        except Exception as e:  # noqa: BLE001 - a failed request is data
            ok, err = False, f"{type(e).__name__}: {str(e)[:300]}"
            traceback.print_exc()
        t1 = time.perf_counter()
        res = OpResult(op.key, op.kind, t0, t1, ok, dig, err)
        if traced:
            res.spark = self._job_counts(rid)
            sc.setLocalProperty("spark.jobGroup.id", None)
        return res

    def _job_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                sinfo = st.getStageInfo(s)
                if sinfo is not None:
                    tasks += sinfo.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def closed_loop(runner: Runner, ops: list[Op], clients: int,
                passes: int) -> tuple[list[OpResult], float]:
    """``clients`` threads share one request stream: ``passes`` whole
    passes over ``ops``.  Each client takes the next request only after
    its previous one returned (closed loop), so every run answers the
    same multiset of requests.  Returns the results and the wall time
    until the last request finished."""
    results: list[OpResult] = []
    lock = threading.Lock()
    stream = iter(range(passes * len(ops)))
    errors: list[BaseException] = []

    def client() -> None:
        try:
            while True:
                with lock:
                    i = next(stream, None)
                if i is None:
                    return
                r = runner.run(ops[i % len(ops)])
                with lock:
                    results.append(r)
        except BaseException as e:  # noqa: BLE001 - re-raised below
            errors.append(e)

    t_start = time.perf_counter()
    threads = [threading.Thread(target=client, daemon=True)
               for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return results, time.perf_counter() - t_start


def latency_summary(durs: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples
    beyond it (with its percentile and n); below 11 samples the tail is
    the maximum and says so."""
    s = sorted(durs)
    n = len(s)
    if n >= 11:
        tail, pct = s[n - 11], 100.0 * (n - 10) / n
    else:
        tail, pct = s[-1], 100.0
    return {"p50": statistics.median(s), "tail": tail,
            "tail_percentile": round(pct, 2), "n": n}
