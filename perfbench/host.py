"""Host state stamped into every result artifact, and memory readings.

The shared host's effective speed drifts over minutes and hours, so each
artifact carries the loadavg, CPU steal and core count it was
measured under (and ``bench.py``'s machine-speed canary, stamped by
run.py), next to the seed and the code version.
"""

from __future__ import annotations

import hashlib
import os
import resource
import subprocess
from pathlib import Path


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave other guests, summed over all CPUs
    since boot (``/proc/stat``): its growth over a run shows how much of
    the run's slowness came from neighbours on a shared host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def code_version(repo: Path, package: str) -> dict:
    """The git commit when run from a clone, and always a sha256 over
    the program package's sources (a checkout need not be a clone)."""
    commit = None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=repo, capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0:
            commit = out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for p in sorted((repo / package).rglob("*.py")):
        h.update(str(p.relative_to(repo)).encode())
        h.update(p.read_bytes())
    return {"git_commit": commit, "package_sha256": h.hexdigest()}


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the driver Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = _vm_hwm_kb(jvm_pid)
    return (py_kb + jvm_kb) / 1024.0


def jvm_pid(spark) -> int:
    """The driver JVM's pid, asked of the JVM itself."""
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
