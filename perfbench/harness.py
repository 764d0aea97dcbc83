"""Run plumbing shared by every workload: the Spark session and its set-up
cycles, the peak-memory readout, the host calibration stamp and the
summary statistics."""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import sys
import time

SETUP_CYCLES = 3

# percentiles a timing may be reported at, highest last
_LADDER = (50.0, 90.0, 95.0, 99.0, 99.9)


def tail_percentile(n: int) -> float | None:
    """Highest percentile on the ladder with at least ten of ``n`` samples
    beyond it; None when even the median has fewer."""
    best = None
    for p in _LADDER:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            best = p
    return best


def percentile(values, p: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def timing_summary(values) -> dict:
    """Median plus the highest percentile the sample count supports."""
    out = {"n": len(values), "p50": statistics.median(values)}
    tail = tail_percentile(len(values))
    if tail is not None and tail > 50.0:
        out[f"p{tail:g}"] = percentile(values, tail)
    return out


def vm_hwm_mb(pid) -> float | None:
    """Peak resident memory (VmHWM) of one process, in MiB; read once,
    outside the timed section.  None when the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return None


# one core's blake2b chain hashes per second (the burn of BENCH/scaling.py's
# cpu_calibration, cut to a fraction of a second); it waits for a shared
# start time so that parallel copies burn together
_BURN = """
import hashlib, sys, time
start, seconds = float(sys.argv[1]), float(sys.argv[2])
time.sleep(max(0.0, start - time.time()))
h, n, t0 = b"x" * 1000, 0, time.perf_counter()
while time.perf_counter() - t0 < seconds:
    for _ in range(200):
        h = hashlib.blake2b(h, digest_size=64).digest()
    n += 200
print(n / (time.perf_counter() - t0))
"""


def _burn(copies: int, seconds: float) -> list[float]:
    """Run ``copies`` burner processes at once and wait for all of them.
    Separate interpreters, so no named semaphores or shared memory."""
    start = f"{time.time() + 0.3:.3f}"
    procs = [subprocess.Popen([sys.executable, "-c", _BURN, start, str(seconds)],
                              stdout=subprocess.PIPE, text=True)
             for _ in range(copies)]
    return [float(p.communicate()[0]) for p in procs]


def host_calibration(workers: int, seconds: float = 0.25) -> dict:
    """Hash throughput on 1 and on ``workers`` cores; their ratio over
    ``workers`` is the host's own parallel ceiling at this moment (about
    1.0 on a quiet host).  Run metadata, not a metric."""
    one = _burn(1, seconds)[0]
    many = sum(_burn(workers, seconds))
    return {"hash_per_s_1": round(one), f"hash_per_s_{workers}": round(many),
            "parallel_efficiency": round(many / one / workers, 3),
            "at": round(time.time(), 3)}


class Session:
    """The benchmark's Spark session, built with the program's own
    ``get_spark`` at local[N]."""

    def __init__(self, cores: int, event_log: str | None) -> None:
        self.cores = cores
        self.conf = {"spark.ui.showConsoleProgress": "false"}
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = None
        self.jvm_peak_mb = None

    def start(self):
        from swingstream.session import get_spark

        self.spark = get_spark(master=f"local[{self.cores}]",
                               app_name="perfbench", extra_conf=self.conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM behind it, and wait for it (and
        with it the Python workers it started) to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            self.jvm_peak_mb = vm_hwm_mb(proc.pid)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            proc.wait(timeout=60)


def _plus_one(s):
    return s + 1


def light_warmup(spark, cores: int) -> None:
    """Touch the engine paths every workload uses: a shuffle aggregation
    and an Arrow Python UDF (which starts the Python workers)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    df = spark.range(0, 20_000, numPartitions=cores)
    df.groupBy((F.col("id") % 97).alias("k")).count().collect()
    plus = pandas_udf(_plus_one, "long")
    df.select(plus("id")).write.format("noop").mode("overwrite").save()


def setup_cycles(session: Session, n: int = SETUP_CYCLES) -> list[float]:
    """Start the session and warm it ``n`` times, stopping it in between;
    returns each cycle's seconds and leaves the last session running.
    The first cycle also pays the JVM launch."""
    walls = []
    for i in range(n):
        if i:
            session.stop()
        t0 = time.perf_counter()
        spark = session.start()
        light_warmup(spark, session.cores)
        walls.append(time.perf_counter() - t0)
    return walls
