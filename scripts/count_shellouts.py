#!/usr/bin/env python3
"""Count the helper processes a command starts: chmod, readlink, stat, ls.

Usage:

    python3 scripts/count_shellouts.py [--tool NAME ...] -- COMMAND [ARG ...]

Without libhadoop, Hadoop's local filesystem shells out for file metadata:
`chmod` to set a created file's permission, `readlink` to resolve a link on
a FileContext rename, `stat` and `ls` to read permissions or links. Each is
a process launch on the caller's clock. This script puts a temporary
directory of logging shims first on PATH, runs COMMAND under it, and prints
how many times each tool ran, between marker lines:

    === shellouts ===
    chmod 0
    readlink 0
    ...
    === end shellouts ===

A shim appends its tool's name to a log in the temporary directory and then
execs the real tool found on the original PATH, so the command behaves as
without the shims. Programs that name the tool by absolute path are not
counted. The command's output passes through unchanged, the temporary
directory is removed afterwards, and the exit code is the command's.

Example, the processes one gate starts under Verify:

    python3 scripts/count_shellouts.py -- \\
        sbt -batch "runMain graft.Verify /path/to/sf0.001 /tmp/v q_stream_join"
"""
import argparse
import os
import shutil
import subprocess
import sys
import tempfile
from collections import Counter

TOOLS = ("chmod", "readlink", "stat", "ls")
BEGIN = "=== shellouts ==="
END = "=== end shellouts ==="


def write_shims(shim_dir, log, tools, path):
    """One executable shim per tool that logs the call and execs the real
    tool. A tool missing from PATH gets no shim."""
    for tool in tools:
        real = shutil.which(tool, path=path)
        if real is None:
            print(f"count_shellouts: {tool} not on PATH; not counted", file=sys.stderr)
            continue
        shim = os.path.join(shim_dir, tool)
        with open(shim, "w") as f:
            f.write("#!/bin/sh\n"
                    f"echo {tool} >> '{log}'\n"
                    f"exec '{real}' \"$@\"\n")
        os.chmod(shim, 0o755)


def count(log):
    """Calls per tool from the shared log (each shim appends one short line
    with O_APPEND, so concurrent calls do not interleave)."""
    if not os.path.exists(log):
        return Counter()
    with open(log) as f:
        return Counter(line.strip() for line in f if line.strip())


def main():
    ap = argparse.ArgumentParser(
        description="Count chmod/readlink/stat/ls processes a command starts.")
    ap.add_argument("--tool", action="append", choices=TOOLS,
                    help="count only this tool (repeatable; default: all)")
    ap.add_argument("command", nargs=argparse.REMAINDER,
                    help="the command to run, after --")
    args = ap.parse_args()
    command = args.command[1:] if args.command[:1] == ["--"] else args.command
    if not command:
        ap.error("no command given")
    tools = tuple(args.tool) if args.tool else TOOLS

    path = os.environ.get("PATH", os.defpath)
    with tempfile.TemporaryDirectory(prefix="count_shellouts") as tmp:
        shim_dir = os.path.join(tmp, "bin")
        os.mkdir(shim_dir)
        log = os.path.join(tmp, "calls.log")
        write_shims(shim_dir, log, tools, path)
        env = dict(os.environ, PATH=shim_dir + os.pathsep + path)
        try:
            code = subprocess.call(command, env=env)
        except KeyboardInterrupt:
            code = 130
        calls = count(log)

    print(BEGIN)
    for tool in tools:
        print(f"{tool} {calls.get(tool, 0)}")
    print(END)
    sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())
