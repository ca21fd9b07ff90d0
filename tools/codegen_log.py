#!/usr/bin/env python3
"""Count Spark generated-class compiles per benchmark repetition.

Reads the stderr of a perfbench `repo-pipeline` run made with the log4j2
configuration this script writes, and prints one row per segment of the run:
set-up, then each repetition. A repetition starts at its extraction's edge
count (`count at Main.scala:164`), the first job every `repo-pipeline`
repetition runs, and lasts until the next one starts; the last repetition
also holds whatever follows it. Only `repo-pipeline` is segmented this way:
the graph workloads run extraction in set-up, not in their repetitions.

    python3 tools/codegen_log.py --write-config cg.properties            # bodies (DEBUG)
    python3 tools/codegen_log.py --write-config cg.properties --level info  # timing only
    JAVA_TOOL_OPTIONS=-Dlog4j2.configurationFile=cg.properties \\
      python3 perfbench/run.py --workload repo-pipeline --seed 601 --seconds 30 \\
      --trace 0 2> run.err
    python3 tools/codegen_log.py run.err

The configuration keeps the root logger at `warn` on a stderr console and
sets `SparkContext` to `info` (its "Starting job:" lines mark the segment
starts) and `CodeGenerator` to `debug`, which logs each compiled body once per
compile, or to `info`, which logs only "Code generated in N ms". A DEBUG run
inflates the compile time, so take the ms column from an INFO run and the
body columns from a DEBUG run.

Columns per segment:
  compiles       "Code generated in" lines (one per compile)
  ms             their summed milliseconds
  bodies         distinct compiled bodies            (DEBUG runs only)
  shared_prev    of those, bodies also compiled in the previous segment
  ws_multi       whole-stage classes (GeneratedIteratorForCodegenStage)
                 compiled more than once in the segment

Stdlib only.
"""
import argparse
import hashlib
import re
import sys

CONFIG = """\
status = warn
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{{yy/MM/dd HH:mm:ss}} %p %c{{1}}: %m%n%ex
rootLogger.level = warn
rootLogger.appenderRef.console.ref = console
logger.codegen.name = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
logger.codegen.level = {level}
logger.sc.name = org.apache.spark.SparkContext
logger.sc.level = info
"""

# One log record starts with the pattern's date, level and logger name.
HEADER = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (TRACE|DEBUG|INFO|WARN|ERROR) (\S+?): ?(.*)$")
GENERATED = re.compile(r"Code generated in ([0-9.]+) ms")
WHOLE_STAGE = re.compile(r"GeneratedIteratorForCodegenStage\d+")
# Segment starts in a perfbench repo-pipeline run: each repetition opens with
# the edge count of its extraction, a job whatever strategy the algorithms take.
REP_START = re.compile(r"^Starting job: count at Main\.scala:164$")


def records(lines):
    """(level, logger, message) per log record; continuation lines (a
    multi-line message such as a generated body) join their record."""
    cur = None
    for line in lines:
        m = HEADER.match(line)
        if m:
            if cur:
                yield cur[0], cur[1], "\n".join(cur[2])
            cur = (m.group(1), m.group(2), [m.group(3)])
        elif cur:
            cur[2].append(line.rstrip("\n"))
    if cur:
        yield cur[0], cur[1], "\n".join(cur[2])


class Segment:
    def __init__(self, name):
        self.name = name
        self.compiles = 0
        self.ms = 0.0
        self.bodies = {}  # body hash -> compiles in this segment
        self.whole_stage = set()  # hashes of whole-stage bodies

    def add_body(self, body):
        h = hashlib.sha256(body.encode()).hexdigest()
        self.bodies[h] = self.bodies.get(h, 0) + 1
        if WHOLE_STAGE.search(body):
            self.whole_stage.add(h)


def segments(lines):
    segs = [Segment("set-up")]
    for level, logger, msg in records(lines):
        if logger == "SparkContext" and msg.startswith("Starting job:"):
            if REP_START.search(msg):
                segs.append(Segment(f"rep {len(segs) - 1}"))
            continue
        if logger != "CodeGenerator":
            continue
        g = GENERATED.search(msg)
        if g:
            segs[-1].compiles += 1
            segs[-1].ms += float(g.group(1))
        elif level == "DEBUG" and "/* 001 */" in msg:
            segs[-1].add_body(msg.strip("\n"))
    return segs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log", nargs="?", help="stderr of the run")
    ap.add_argument("--write-config", metavar="PATH",
                    help="write the log4j2 configuration to PATH and exit")
    ap.add_argument("--level", choices=("debug", "info"), default="debug",
                    help="CodeGenerator level of the written configuration")
    args = ap.parse_args()
    if args.write_config:
        with open(args.write_config, "w") as f:
            f.write(CONFIG.format(level=args.level))
        return
    if not args.log:
        ap.error("a log file is required")
    with open(args.log, errors="replace") as f:
        segs = segments(f)
    debug = any(s.bodies for s in segs)
    print(f"{'segment':8} {'compiles':>8} {'ms':>9}" +
          (f" {'bodies':>7} {'shared_prev':>11} {'ws_multi':>8}" if debug else ""))
    prev = None
    for s in segs:
        row = f"{s.name:8} {s.compiles:8d} {s.ms:9.1f}"
        if debug:
            shared = len(s.bodies.keys() & prev.bodies.keys()) if prev else 0
            multi = sum(1 for h in s.whole_stage if s.bodies[h] > 1)
            row += f" {len(s.bodies):7d} {shared:11d} {multi:8d}"
        print(row)
        prev = s


if __name__ == "__main__":
    sys.exit(main())
