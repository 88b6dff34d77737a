#!/usr/bin/env python3
"""Count the broadcasts and Spark jobs of one perfbench run's loop.

    JAVA_TOOL_OPTIONS=-Dlog4j2.configurationFile=$PWD/scripts/broadcast_census.log4j2.properties \\
        python3 perfbench/run.py --workload scan_mix --seed 1 --seconds 10 --trace 0 2> run.err
    python3 scripts/broadcast_census.py run.err

The stderr file must come from a run logging through
`broadcast_census.log4j2.properties` (MemoryStore and SparkContext at INFO,
thread names between bars). Build the benchmark with a plain run first, or
the build's own JVMs pick up the log configuration too.

Only the timed loop counts. It starts at the last `[perfbench] setup_s
builds` line (the first run after a source change also prints the lines of
the class-data archive run before it) and lasts the `loop_s` of the `ops=`
line after it; log lines are matched by timestamp, so the final check's
jobs are left out. A Hadoop-conf broadcast is a `broadcast_N` value block
of 200-240 KiB, the size of the session's serialized Hadoop configuration,
which every Parquet reader factory broadcasts: the engine's scans and
Spark's own file source alike, told apart by call site. Counts are per loop
op; for ingest_cdc also per change op (every fourth op compacts instead).
"""
import collections
import datetime
import re
import sys

LINE = re.compile(r"^(\d{4}-\d\d-\d\d \d\d:\d\d:\d\d\.\d{3}) (\S+) (\S+) \|(.*?)\| (.*)$")
STORED = re.compile(r"Block broadcast_(\d+) stored as values in memory "
                    r"\(estimated size ([\d.]+) (B|KiB|MiB|GiB)")
CREATED = re.compile(r"Created broadcast (\d+) from (.*)$")
JOB = re.compile(r"Starting job: (.*)$")
UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30}
CONF_KIB = (200, 240)
COMPACT_EVERY = 4


def thread_kind(name):
    """Thread name without the ids that change per run, task or trigger."""
    return re.sub(r"\[[^\]]*\]|\d+", "*", name)


def loop_lines(lines):
    """(workload, ops, loop_s, parsed log lines of the timed loop)."""
    starts = [i for i, l in enumerate(lines) if l.startswith("[perfbench] setup_s builds")]
    if not starts:
        sys.exit("no '[perfbench] setup_s builds' line: not a perfbench stderr file")
    start = starts[-1]
    workload = None
    for l in lines[:start]:
        m = re.search(r"\bworkload=(\S+)", l)
        if l.startswith("[perfbench] host") and m:
            workload = m.group(1)
    ops_line = next((l for l in lines[start:] if l.startswith("[perfbench] ops=")), None)
    if ops_line is None:
        sys.exit("no '[perfbench] ops=' line after the last setup line: the run did not finish")
    ops = int(re.search(r"ops=(\d+)", ops_line).group(1))
    loop_s = float(re.search(r"loop_s=([\d.]+)", ops_line).group(1))
    parsed, t0 = [], None
    for l in lines[start + 1:]:
        m = LINE.match(l)
        if not m:
            continue
        ts = datetime.datetime.strptime(m.group(1), "%Y-%m-%d %H:%M:%S.%f")
        t0 = t0 or ts
        if (ts - t0).total_seconds() > loop_s:
            break
        parsed.append((m.group(4), m.group(5)))
    return workload, ops, loop_s, parsed


def main(path):
    with open(path, errors="replace") as f:
        lines = f.read().splitlines()
    workload, ops, loop_s, parsed = loop_lines(lines)
    if not parsed:
        sys.exit("no log lines in the loop: was the run made with broadcast_census.log4j2.properties?")
    site, size, thread = {}, {}, {}
    jobs = collections.Counter()
    for t, msg in parsed:
        if m := STORED.search(msg):
            size[m.group(1)] = float(m.group(2)) * UNIT[m.group(3)]
            thread[m.group(1)] = thread_kind(t)
        elif m := CREATED.search(msg):
            site[m.group(1)] = m.group(2)
        elif m := JOB.search(msg):
            jobs[(thread_kind(t), m.group(1))] += 1
    conf = {b for b, s in size.items() if CONF_KIB[0] << 10 <= s <= CONF_KIB[1] << 10}
    groups = collections.defaultdict(lambda: [0, 0, 0])
    for b in size:
        key = (thread[b], site.get(b, "?"))
        groups[key][0] += b in conf
        groups[key][1] += 1
    for key, n in jobs.items():
        groups[key][2] += n

    change_ops = ops - ops // COMPACT_EVERY if workload == "ingest_cdc" else None
    def per(n):
        s = f"{n / ops:.2f}/op"
        return s + (f" {n / change_ops:.2f}/change op" if change_ops else "")
    print(f"workload={workload} ops={ops} loop_s={loop_s:.2f}" +
          (f" change_ops={change_ops}" if change_ops else ""))
    print(f"hadoop_conf_broadcasts={len(conf)} ({per(len(conf))})")
    print(f"broadcasts={len(size)} ({per(len(size))})")
    print(f"jobs={sum(jobs.values())} ({per(sum(jobs.values()))})")
    print("\nconf  all  jobs  per op (conf/all/jobs)  thread | call site")
    for (t, s), (c, a, j) in sorted(groups.items(), key=lambda kv: (-kv[1][0], -kv[1][1], -kv[1][2])):
        print(f"{c:4d} {a:4d} {j:5d}  {c / ops:5.2f}/{a / ops:5.2f}/{j / ops:5.2f}  {t} | {s}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
