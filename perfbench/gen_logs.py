"""Seeded generator of Hadoop-shaped ``container_*.log`` trees.

Every line has the YARN/MapReduce container-log shape the CLI ingests::

    2015-10-18 18:01:47,978 INFO [main] org.apache.hadoop.mapreduce.v2.app.MRAppMaster: <message>

Messages come from ``templates`` generator templates drawn with Zipf
weights. A template is a fixed word sequence with parameter slots that
the CLI masks (ids, ports, addresses, numbers, paths) and, for some,
one small enum slot it does not mask (task states, counter names), so
the masked catalog is several times the generator template count, as
in real Hadoop logs. ERROR and some WARN lines are followed by stack
trace continuation lines with no timestamp.

The output depends only on the arguments: the same seed gives
byte-identical files. The generator templates depend only on their
count and the seed draws the lines, so trees of one size have about the
same bytes and masked catalog size whatever the seed.

    python3 perfbench/gen_logs.py OUT_DIR --seed 1 --lines 20000 --files 8 --templates 200
"""

from __future__ import annotations

import argparse
import json
import os
import random
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass

APP_TS = 1445062781478

PACKAGES = [
    "org.apache.hadoop.mapreduce.v2.app", "org.apache.hadoop.mapreduce.v2.app.rm",
    "org.apache.hadoop.mapreduce.v2.app.job.impl", "org.apache.hadoop.mapred",
    "org.apache.hadoop.yarn.event", "org.apache.hadoop.hdfs", "org.apache.hadoop.ipc",
    "org.apache.hadoop.mapreduce.lib.output", "org.apache.hadoop.metrics2.impl",
    "org.apache.hadoop.yarn.client.api.impl", "org.apache.hadoop.security",
]
CLASSES = [
    "MRAppMaster", "RMContainerAllocator", "TaskAttemptImpl", "JobImpl", "TaskImpl",
    "MapTask", "ReduceTask", "AsyncDispatcher", "DFSClient", "LeaseRenewer", "Client",
    "FileOutputCommitter", "MetricsSystemImpl", "ContainerManagementProtocolProxy",
    "TaskAttemptListenerImpl", "CommitterEventHandler", "Fetcher", "MergeManagerImpl",
    "ShuffleSchedulerImpl", "UserGroupInformation", "LocalDirAllocator", "YarnChild",
]
THREADS = [
    "main", "AsyncDispatcher event handler", "RMCommunicator Allocator",
    "IPC Server handler {n} on {port}", "CommitterEvent Processor #{n}",
    "LeaseRenewer:msrabi@msra-sa-41:9000", "ContainerLauncher #{n}",
    "fetcher#{n}", "communication thread", "Socket Reader #1 for port {port}",
]
WORDS = (
    "task attempt container job map reduce shuffle fetch merge commit output input "
    "split block replica node heartbeat allocate assign release launch finish start "
    "stop progress status report event handler queue scheduler resource memory vcores "
    "priority request response client server connection retry timeout lease renew "
    "segment spill sort combine counter metric token credential directory file stream "
    "buffer record recovery history flush close open read write done pending running "
    "completed failed killed succeeded preempted blacklisted ready initialized"
).split()
ENUMS = [
    ["NEW", "SCHEDULED", "ASSIGNED", "RUNNING", "SUCCEEDED", "FAILED", "KILLED"],
    ["MAP", "REDUCE", "JOB_SETUP", "JOB_CLEANUP"],
    ["FILE_BYTES_READ", "FILE_BYTES_WRITTEN", "HDFS_BYTES_READ", "MAP_INPUT_RECORDS",
     "SPILLED_RECORDS", "GC_TIME_MILLIS", "CPU_MILLISECONDS"],
    ["TA_SCHEDULE", "TA_ASSIGNED", "TA_CONTAINER_LAUNCHED", "TA_DONE", "TA_KILL"],
    ["true", "false"],
]
# parameter slots; every rendering is masked to <*> by the CLI's rule chain
SLOTS = ["appattempt", "container", "attempt", "task", "ip_port", "num", "ms",
         "path", "float", "hex"]
EXCEPTIONS = [
    "java.io.IOException: Bad response ERROR for block",
    "java.net.ConnectException: Connection refused",
    "java.net.SocketTimeoutException: Read timed out",
    "org.apache.hadoop.ipc.RemoteException: Lease expired",
    "java.lang.InterruptedException: sleep interrupted",
]
FRAMES = [
    f"\tat {p}.{c}.{m}({c}.java:{{line}})"
    for p, c, m in [
        ("org.apache.hadoop.hdfs", "DFSOutputStream", "run"),
        ("org.apache.hadoop.hdfs", "DFSClient", "checkOpen"),
        ("org.apache.hadoop.ipc", "Client", "call"),
        ("org.apache.hadoop.ipc", "Client", "getConnection"),
        ("org.apache.hadoop.net", "NetUtils", "connect"),
        ("org.apache.hadoop.mapred", "YarnChild", "main"),
        ("org.apache.hadoop.mapred", "MapTask", "runNewMapper"),
        ("org.apache.hadoop.mapreduce.task.reduce", "Fetcher", "copyFromHost"),
        ("java.security", "AccessController", "doPrivileged"),
        ("java.lang", "Thread", "run"),
        ("sun.nio.ch", "SocketChannelImpl", "checkConnect"),
        ("java.util.concurrent", "ThreadPoolExecutor", "runWorker"),
    ]
]


@dataclass(frozen=True)
class Template:
    level: str
    logger: str
    thread: str
    parts: tuple  # words, ("slot", name) or ("enum", choices)


def make_templates(rng: random.Random, n: int) -> list[Template]:
    """``n`` distinct generator templates, index 0 the most frequent."""
    out, seen = [], set()
    while len(out) < n:
        parts, has_enum = [], False
        for _ in range(rng.randint(3, 9)):
            r = rng.random()
            if r < 0.25:
                parts.append(("slot", rng.choice(SLOTS)))
            elif r < 0.30 and not has_enum:
                parts.append(("enum", tuple(rng.choice(ENUMS))))
                has_enum = True
            else:
                parts.append(rng.choice(WORDS))
        level = rng.choices(["INFO", "WARN", "ERROR", "DEBUG"], [80, 10, 6, 4])[0]
        logger = f"{rng.choice(PACKAGES)}.{rng.choice(CLASSES)}"
        key = (level, logger, tuple(parts))
        if key in seen:
            continue
        seen.add(key)
        out.append(Template(level, logger, rng.choice(THREADS), tuple(parts)))
    return out


def _slot(rng: random.Random, name: str, app: int) -> str:
    if name == "appattempt":
        return f"appattempt_{APP_TS}_{app:04d}_{rng.randint(1, 3):06d}"
    if name == "container":
        return f"container_{APP_TS}_{app:04d}_01_{rng.randint(1, 99):06d}"
    if name == "attempt":
        return f"attempt_{APP_TS}_{app:04d}_{rng.choice('mr')}_{rng.randint(0, 99):06d}_{rng.randint(0, 3)}"
    if name == "task":
        return f"task_{APP_TS}_{app:04d}_{rng.choice('mr')}_{rng.randint(0, 99):06d}"
    if name == "ip_port":
        return f"10.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}:{rng.randint(1024, 65535)}"
    if name == "num":
        return str(rng.randint(0, 100000))
    if name == "ms":
        return f"{rng.randint(1, 90000)}ms"
    if name == "path":
        return (f"hdfs://msra-sa-41:9000/tmp/hadoop-yarn/staging/msrabi/.staging/"
                f"job_{APP_TS}_{app:04d}/{rng.choice(WORDS)}.{rng.randint(0, 9)}")
    if name == "float":
        return f"{rng.random():.4f}"
    return hex(rng.getrandbits(32))  # "hex"


def _render(rng: random.Random, t: Template, app: int, stamp: str) -> str:
    words = []
    for p in t.parts:
        if isinstance(p, str):
            words.append(p)
        elif p[0] == "slot":
            words.append(_slot(rng, p[1], app))
        else:
            words.append(rng.choice(p[1]))
    thread = t.thread.format(n=rng.randint(0, 29), port=rng.randint(1024, 65535))
    return f"{stamp} {t.level} [{thread}] {t.logger}: {' '.join(words)}"


def _file_sizes(rng: random.Random, lines: int, files: int) -> list[int]:
    """Split ``lines`` over ``files`` files, uneven like real containers
    (the AM container is long, task containers short), each ≥ 1 line."""
    weights = [rng.uniform(0.3, 1.0) * (4.0 if i == 0 else 1.0) for i in range(files)]
    total = sum(weights)
    sizes = [max(1, int(lines * w / total)) for w in weights]
    sizes[0] += lines - sum(sizes)
    return sizes


def _write_file(tpls: list[Template], cum: list[float], out_dir: str, seed: int,
                i: int, n: int) -> int:
    """Write container file ``i`` with ``n`` lines; returns its bytes.
    Its lines depend only on ``(seed, i)``, so files can be written in
    any order, in parallel."""
    rng = random.Random(f"{seed}/{i}")
    app = 1 + i // 16
    app_dir = os.path.join(out_dir, f"application_{APP_TS}_{app:04d}")
    os.makedirs(app_dir, exist_ok=True)
    if i % 16 == 0:
        with open(os.path.join(app_dir, "syslog.txt"), "w") as f:
            f.write("decoy: not a container log\n")
    trace_p = {"ERROR": 0.8, "WARN": 0.2}
    out, sec = [], rng.randint(0, 40000)
    while len(out) < n:
        t = tpls[rng.choices(range(len(tpls)), cum_weights=cum)[0]]
        sec += rng.randint(0, 2)
        stamp = (f"2015-10-18 {(sec // 3600) % 24:02d}:{(sec // 60) % 60:02d}:"
                 f"{sec % 60:02d},{rng.randint(0, 999):03d}")
        out.append(_render(rng, t, app, stamp))
        if rng.random() < trace_p.get(t.level, 0.0):
            out.append(rng.choice(EXCEPTIONS))
            for _ in range(rng.randint(1, 4)):
                out.append(rng.choice(FRAMES).format(line=rng.randint(50, 2000)))
    data = "\n".join(out[:n]) + "\n"
    path = os.path.join(app_dir, f"container_{APP_TS}_{app:04d}_01_{i + 1:06d}.log")
    with open(path, "w") as f:
        f.write(data)
    return len(data.encode())


def generate(out_dir: str, seed: int, lines: int, files: int, templates: int) -> dict:
    """Write the tree under ``out_dir`` and return its description:
    line/file/byte counts and the generator template count.

    Files go in ``application_*`` directories of up to 16 containers,
    each directory with one decoy file the CLI's glob must skip.
    Up to four processes write the files.
    """
    if lines < files or files < 1 or templates < 1:
        raise ValueError("need lines >= files >= 1 and templates >= 1")
    tpls = make_templates(random.Random(templates), templates)
    cum, acc = [], 0.0
    for rank in range(1, templates + 1):
        acc += 1.0 / rank ** 1.1  # Zipf mix
        cum.append(acc)
    sizes = _file_sizes(random.Random(seed), lines, files)
    args = [(tpls, cum, out_dir, seed, i, n) for i, n in enumerate(sizes)]
    with ProcessPoolExecutor(min(4, len(os.sched_getaffinity(0)))) as ex:
        n_bytes = sum(ex.map(_write_file, *zip(*args)))
    return {"lines": lines, "files": files, "mb": round(n_bytes / 2**20, 3),
            "generator_templates": templates}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--lines", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--templates", type=int, required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.out_dir, a.seed, a.lines, a.files, a.templates)))


if __name__ == "__main__":
    main()
