"""Host posture: the core count and heap the run uses, and the load and
CPU steal around it, so a noisy run can be told apart."""
import os


def cpus():
    return len(os.sched_getaffinity(0))


def driver_mem_gb():
    """Half the host memory in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def cpu_ticks():
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7] if len(fields) > 7 else 0, sum(fields)
    except OSError:
        return 0, 0


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def posture(ticks_before, heap_gb):
    steal0, total0 = ticks_before
    steal1, total1 = cpu_ticks()
    dt = total1 - total0
    return {"nproc": cpus(), "heap_gb": heap_gb, "loadavg": loadavg(),
            "steal_frac": (steal1 - steal0) / dt if dt > 0 else 0.0}
