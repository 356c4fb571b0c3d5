#!/usr/bin/env python3
"""Top frames of a JFR CPU profile, per thread group.

    jfr print --events jdk.ExecutionSample --stack-depth 30 rec.jfr > rec.txt
    python3 tools/jfr_top.py rec.txt [rec2.txt ...] [--top 15] [--group NAME]
                                [--match TEXT]

Folds the printed execution samples by the sampled thread's group:
`Executor task launch worker` (Spark tasks), `readstat-commit` (the sink's
commit renders and zsav deflates), `main` (the driver) and `other`. For
each group it prints the sample count, then the top frames by self samples
(the frame on top of the stack) and by inclusive samples (the frame
anywhere in the printed stack, counted once per sample), each with its
share of the group. `--match graft.` lists only the frames that contain
the text; shares stay of all the group's samples. Frames are methods with
their argument types; line numbers are dropped, so a method's lines count
together. A stack deeper than `--stack-depth` is cut, which undercounts
the inclusive shares of the outermost frames only. Reads files only.
"""
import argparse
import collections
import re
import sys

GROUPS = ("Executor task launch worker", "readstat-commit", "main")
THREAD = re.compile(r'^\s*sampledThread = "(.*)" \(javaThreadId')
LINE = re.compile(r"\s+line: \d+$")


def group_of(thread):
    for g in GROUPS:
        if thread == g or thread.startswith(g):
            return g
    return "other"


def samples(lines):
    """Yields (thread, frames top first) per jdk.ExecutionSample."""
    thread, frames, in_stack = None, None, False
    for raw in lines:
        line = raw.rstrip("\n")
        s = line.strip()
        if s == "jdk.ExecutionSample {":
            thread, frames, in_stack = None, [], False
        elif frames is None:
            continue
        elif (m := THREAD.match(line)):
            thread = m.group(1)
        elif s == "stackTrace = [":
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s and s != "...":
            frames.append(LINE.sub("", s))
        elif s == "}" and not in_stack:
            if thread is not None and frames:
                yield thread, frames
            frames = None


def fold(paths):
    n = collections.Counter()
    self_ = collections.defaultdict(collections.Counter)
    incl = collections.defaultdict(collections.Counter)
    for path in paths:
        with open(path, encoding="utf-8", errors="replace") as f:
            for thread, frames in samples(f):
                g = group_of(thread)
                n[g] += 1
                self_[g][frames[0]] += 1
                incl[g].update(set(frames))
    return n, self_, incl


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("files", nargs="+", help="text output of jfr print")
    ap.add_argument("--top", type=int, default=15, help="frames per list")
    ap.add_argument("--group", action="append",
                    help="print only this group (repeatable)")
    ap.add_argument("--match", default="", help="list only frames containing this text")
    a = ap.parse_args(argv)
    n, self_, incl = fold(a.files)
    if not n:
        print("no jdk.ExecutionSample events found", file=sys.stderr)
        return 1
    for g in GROUPS + ("other",):
        if not n[g] or (a.group and g not in a.group):
            continue
        print(f"== {g}: {n[g]} samples")
        for title, counts in (("self", self_[g]), ("inclusive", incl[g])):
            print(f"  -- {title}")
            listed = [(f, c) for f, c in counts.most_common() if a.match in f]
            for frame, c in listed[:a.top]:
                print(f"  {c:6d} {100.0 * c / n[g]:5.1f}%  {frame}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
