#!/usr/bin/env python3
"""Count the helper programs a command forks for file metadata.

    python3 tools/shellout_census.py CMD [ARG...]
    python3 tools/shellout_census.py python3 perfbench/run.py --workload stream_suite --seed 44

Without its native library, Hadoop's local file system runs small programs
to answer metadata calls: `readlink` to resolve a link, `chmod` to set a
permission, `stat` and `ls` to read one, `df` for disk space, and `id` and
`groups` for the user's groups. Each call is a fork and exec. The wait shows
up as task wall time with no CPU, and Spark's metrics do not see it.

The tool writes a shim for each of those programs into a temporary
directory and puts that directory first on PATH. Each shim logs its
program name and arguments, then execs the real program. CMD runs with
that PATH and inherits it down to every JVM it starts. After CMD exits,
the tool deletes the directory and prints the fork counts to stderr:
first by program, then by (program, path pattern). A path pattern is the
last two components of a path argument, with UUIDs written as U and digit
runs as N. The tool exits with CMD's status.
"""
import collections
import os
import re
import shlex
import shutil
import subprocess
import sys
import tempfile

PROGRAMS = ["readlink", "chmod", "stat", "ls", "df", "id", "groups"]
TOP = 30
UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
DIGITS = re.compile(r"\d+")


def write_shims(shim_dir, log_path, path):
    """One `sh` script per program found on `path`: append one
    tab-separated line (program, args...) to the log, then exec the real
    program. A line is one write, so concurrent shims do not interleave."""
    made = []
    for prog in PROGRAMS:
        real = shutil.which(prog, path=path)
        if real is None:
            continue
        shim = os.path.join(shim_dir, prog)
        with open(shim, "w") as f:
            f.write("#!/bin/sh\n"
                    f"line={prog}\n"
                    'for a in "$@"; do line="$line\t$a"; done\n'
                    f"printf '%s\\n' \"$line\" >> {shlex.quote(log_path)}\n"
                    f'exec {shlex.quote(real)} "$@"\n')
        os.chmod(shim, 0o755)
        made.append(prog)
    return made


def pattern(arg):
    """The last two path components of `arg`, UUIDs as U and digit runs as N."""
    tail = "/".join(arg.rstrip("/").split("/")[-2:])
    return DIGITS.sub("N", UUID.sub("U", tail))


def census(lines):
    by_prog, by_pattern = collections.Counter(), collections.Counter()
    for line in lines:
        prog, *args = line.rstrip("\n").split("\t")
        by_prog[prog] += 1
        paths = [a for a in args if "/" in a]
        by_pattern[(prog, pattern(paths[-1]) if paths else "(no path)")] += 1
    return by_prog, by_pattern


def report(by_prog, by_pattern, out):
    print(f"[census] {sum(by_prog.values())} forks", file=out)
    for prog, n in by_prog.most_common():
        print(f"[census] {prog:10s} {n:8d}", file=out)
    print("[census] by path pattern:", file=out)
    for (prog, pat), n in by_pattern.most_common(TOP):
        print(f"[census] {prog:10s} {n:8d}  {pat}", file=out)
    if len(by_pattern) > TOP:
        print(f"[census] ... {len(by_pattern) - TOP} more patterns", file=out)


def main(argv):
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__, file=sys.stderr)
        return 2
    shim_dir = tempfile.mkdtemp(prefix="shellout-census-")
    try:
        log_path = os.path.join(shim_dir, "forks.log")
        open(log_path, "w").close()
        path = os.environ.get("PATH", os.defpath)
        made = write_shims(shim_dir, log_path, path)
        env = dict(os.environ, PATH=shim_dir + os.pathsep + path)
        code = subprocess.call(argv, env=env)
        with open(log_path) as f:
            by_prog, by_pattern = census(f)
        print(f"[census] shims: {' '.join(made)}; command exited {code}", file=sys.stderr)
        report(by_prog, by_pattern, sys.stderr)
        return code
    finally:
        shutil.rmtree(shim_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
