"""Percentiles with a sample-size rule, and host contention stamps."""
import math
import os
import resource
import time

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(values, q):
    """The q-quantile (0 < q < 1, nearest rank) of `values`, refused
    unless at least MIN_BEYOND samples lie beyond it: p50 needs 20
    samples, p90 needs 100."""
    n = len(values)
    if round(n * (1 - q), 9) < MIN_BEYOND:
        raise TooFewSamples(f"p{round(q * 100)} needs "
                            f"{math.ceil(round(MIN_BEYOND / (1 - q), 9))} "
                            f"samples, got {n}")
    return sorted(values)[max(0, math.ceil(round(q * n, 9)) - 1)]


def host_stamp():
    """nproc, load average and the /proc/stat CPU counters, now."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:9]]
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    me = resource.getrusage(resource.RUSAGE_SELF)
    return {"time": time.time(), "nproc": os.cpu_count(),
            "cpus_allowed": len(os.sched_getaffinity(0)), "loadavg": load,
            "cpu_jiffies": cpu,
            "own_cpu_s": ru.ru_utime + ru.ru_stime + me.ru_utime + me.ru_stime}


def contention(start, end):
    """CPU the rest of the host used while the run was going (busy time
    minus this process tree's), and the steal time, each as a share of
    the host's CPU time. /proc/stat counts user nice system idle iowait
    irq softirq steal."""
    d = [b - a for a, b in zip(start["cpu_jiffies"], end["cpu_jiffies"])]
    total = max(1, sum(d))
    hz = os.sysconf("SC_CLK_TCK")
    busy_s = (total - d[3] - d[4] - d[7]) / hz
    own_s = end["own_cpu_s"] - start["own_cpu_s"]
    return {"other_cpu_pct": round(100 * max(0.0, busy_s - own_s) * hz / total, 2),
            "steal_pct": round(100 * d[7] / total, 2),
            "loadavg_start": start["loadavg"], "loadavg_end": end["loadavg"],
            "nproc": end["nproc"], "cpus_allowed": end["cpus_allowed"]}
