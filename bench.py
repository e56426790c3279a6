"""JVM log routing, log scan and CPU-pressure sampling for
``perfbench/run.py``, the repo's benchmark harness.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 12
"""

from __future__ import annotations

import os
import re
import tempfile

# JVM log hygiene: route driver/executor log4j output to a file instead of
# the console so a late log (e.g. the benign accumulator-update race from a
# just-finished job) can never contaminate the benchmark's output stream.
# After the run the file is scanned: benign stacks are counted into the
# JSON, anything unexpected fails the run loudly.
_BENIGN_STACK_MARKERS = (
    # accumulator updates racing job teardown (SPARK-helpfully logged at
    # ERROR by DAGScheduler.updateAccumulators but harmless post-completion)
    "updateAccumulators",
    "Attempted to access garbage collected accumulator",
)


def _jvm_log_conf() -> tuple[str, str]:
    """Write a log4j2 config routing everything >=WARN to a temp file;
    returns (config_path, log_path)."""
    d = tempfile.mkdtemp(prefix="bench_jvmlog_")
    log_path = os.path.join(d, "jvm.log")
    conf_path = os.path.join(d, "log4j2.properties")
    with open(conf_path, "w") as f:
        f.write(
            "rootLogger.level = warn\n"
            "rootLogger.appenderRef.file.ref = FileAppender\n"
            "appender.file.type = File\n"
            "appender.file.name = FileAppender\n"
            f"appender.file.fileName = {log_path}\n"
            "appender.file.layout.type = PatternLayout\n"
            "appender.file.layout.pattern = %d{HH:mm:ss} %p %c: %m%n%ex\n"
        )
    return conf_path, log_path


def _scan_jvm_log(log_path: str) -> tuple[int, list[str]]:
    """Split the JVM log into entries; return (benign_stack_count,
    unexpected_entries).  An entry is 'stacky' if it carries exception
    frames (\\tat ...) or an exception class name."""
    if not os.path.exists(log_path):
        return 0, []
    entries: list[str] = []
    cur: list[str] = []
    ts = re.compile(r"^\d\d:\d\d:\d\d ")
    with open(log_path, errors="replace") as f:
        for line in f:
            if ts.match(line) and cur:
                entries.append("".join(cur))
                cur = []
            cur.append(line)
    if cur:
        entries.append("".join(cur))
    benign = 0
    unexpected = []
    for e in entries:
        stacky = "\tat " in e or "Exception" in e or "Error" in e
        if not stacky:
            continue
        if any(m in e for m in _BENIGN_STACK_MARKERS):
            benign += 1
        else:
            unexpected.append(e)
    return benign, unexpected


def _cpu_pressure() -> dict | None:
    """Sample /proc/pressure/cpu: {'avg10': float, 'total_us': int} for the
    'some' line, or None where PSI is unavailable.  Stamped into the
    benchmark JSON so a loaded-machine run is visible in the result
    itself."""
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    kv = dict(p.split("=") for p in line.split()[1:])
                    return {"avg10": float(kv["avg10"]),
                            "total_us": int(kv["total"])}
    except OSError:
        return None
    return None
