"""Host CPU telemetry (steal, user, idle, iowait, load) over a timed region."""

import os


def _cpu_sample() -> list[int] | None:
    """Aggregate jiffy counters from /proc/stat (user..steal)."""
    try:
        with open("/proc/stat") as fh:
            return [int(v) for v in fh.readline().split()[1:9]]
    except (OSError, ValueError, IndexError):
        return None


def host_telemetry(before: list[int] | None) -> dict:
    """CPU-time breakdown over the timed region, so a reader of the
    recorded JSON can adjudicate host throttling without shell access:
    this VM has shown progressive vCPU-credit steal (7.5%+ during
    sustained benches) that uniformly inflates every query. steal_pct
    is the fraction of elapsed CPU time the hypervisor withheld."""
    after = _cpu_sample()
    out: dict = {}
    if before and after:
        d = [b - a for a, b in zip(before, after)]
        tot = sum(d)
        if tot > 0:
            names = ["user", "nice", "system", "idle",
                     "iowait", "irq", "softirq", "steal"]
            pct = {n: round(100.0 * v / tot, 2) for n, v in zip(names, d)}
            out = {
                "steal_pct": pct["steal"],
                "user_pct": pct["user"],
                "idle_pct": pct["idle"],
                "iowait_pct": pct["iowait"],
            }
    try:
        out["load1"] = round(os.getloadavg()[0], 2)
        out["ncpu"] = os.cpu_count()
    except OSError:
        pass
    return out
