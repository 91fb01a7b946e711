#!/usr/bin/env python3
"""Child processes a JVM started, from a JFR recording's jdk.ProcessStart events.

Usage: python3 tools/jfr_forks.py <recording.jfr> [path-substring]

Prints the total, then the starts counted by command (the program started,
e.g. `readlink`, `chmod`) and by directory (the directory of the last absolute
path in the command line, e.g. `<ckpt>/offsets`), most frequent first. With a
path substring, counts only the starts whose command line contains it.

Record a run with the environment alone, no code change, e.g.

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=default \\
        python3 perfbench/run.py --workload summary_stream --seed 7 --seconds 20 --trace 1

(JAVA_TOOL_OPTIONS reaches every JVM started under it, sbt included; the
last one to exit writes the file.) Needs the JDK's `jfr` tool on PATH or in
$JAVA_HOME/bin.
"""
import collections
import json
import os
import shutil
import subprocess
import sys


def jfr_tool():
    home = os.environ.get("JAVA_HOME")
    path = os.path.join(home, "bin", "jfr") if home else None
    return path if path and os.path.exists(path) else shutil.which("jfr")


def commands(recording):
    """The command line of every jdk.ProcessStart event in `recording`."""
    tool = jfr_tool()
    if tool is None:
        sys.exit("jfr_forks: no `jfr` tool (set JAVA_HOME or put it on PATH)")
    out = subprocess.run([tool, "print", "--json", "--events", "jdk.ProcessStart", recording],
                         check=True, capture_output=True, text=True).stdout
    return [e["values"]["command"] for e in json.loads(out)["recording"]["events"]]


def directory(command):
    """Directory of the last absolute path or `file:` URI in `command`."""
    paths = [w.removeprefix("file:") for w in command.split()]
    paths = [w for w in paths if w.startswith("/")]
    return os.path.dirname(paths[-1]) if paths else "(no path)"


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    cmds = commands(sys.argv[1])
    if len(sys.argv) == 3:
        cmds = [c for c in cmds if sys.argv[2] in c]
    print(f"{len(cmds)} process starts" + (f" naming {sys.argv[2]}" if len(sys.argv) == 3 else ""))
    for title, key in (("command", lambda c: c.split()[0] if c.split() else c),
                       ("directory", directory)):
        print(f"by {title}:")
        for k, n in collections.Counter(map(key, cmds)).most_common():
            print(f"  {n:6d}  {k}")


if __name__ == "__main__":
    main()
