#!/usr/bin/env python3
"""Count the processes a JVM started, from a JFR recording.

    python3 tools/forks.py recording.jfr

Record with `java -XX:StartFlightRecording=filename=rec.jfr,dumponexit=true`
(the default settings record `jdk.ProcessStart` with its stack trace). The
script runs `jfr print --events jdk.ProcessStart --stack-depth 40` on the
recording and prints the number of process starts:

- by command, with every argument that holds a `/` (a path) dropped, so
  `chmod 0644 /x/.0.crc` counts as `chmod 0644`;
- by the first frame of the stack that is in `org.apache.spark` or `graft`,
  without its argument list and line, which names the code that asked for
  the process (`(none)` if no such frame is within the 40 printed).
"""
import collections
import re
import subprocess
import sys

COMMAND = re.compile(r'^\s*command = "(.*)"$')
FRAME = re.compile(r"^\s+((?:org\.apache\.spark|graft)\.[\w.$]+)\(")


def program(command):
    """The command without its path arguments."""
    return " ".join(w for w in command.split() if "/" not in w)


def count(text):
    """(Counter by command, Counter by first Spark/graft frame) of the
    `jdk.ProcessStart` events in `jfr print` output."""
    by_command, by_frame = collections.Counter(), collections.Counter()
    for event in text.split("jdk.ProcessStart {")[1:]:
        command, frame = None, "(none)"
        for line in event.splitlines():
            m = COMMAND.match(line)
            if m and command is None:
                command = program(m.group(1))
            m = FRAME.match(line)
            if m and frame == "(none)":
                frame = m.group(1)
        by_command[command] += 1
        by_frame[frame] += 1
    return by_command, by_frame


def report(by_command, by_frame):
    lines = [f"{sum(by_command.values())} process starts", "by command:"]
    lines += [f"{n:8d}  {c}" for c, n in by_command.most_common()]
    lines.append("by first org.apache.spark / graft frame:")
    lines += [f"{n:8d}  {f}" for f, n in by_frame.most_common()]
    return "\n".join(lines)


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    text = subprocess.run(
        ["jfr", "print", "--events", "jdk.ProcessStart", "--stack-depth", "40", argv[1]],
        check=True, capture_output=True, text=True).stdout
    print(report(*count(text)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
