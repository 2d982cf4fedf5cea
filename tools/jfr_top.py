#!/usr/bin/env python3
"""Sample shares per frame from a JFR recording's execution samples.

    jfr print --events jdk.ExecutionSample --stack-depth 64 rec.jfr > samples.txt
    python3 tools/jfr_top.py samples.txt [--thread REGEX] [--filter REGEX] [--top N]
    python3 tools/jfr_top.py samples.txt --callers REGEX [--depth N]

Reads the text that `jfr print` writes (JDK 17's `jfr` tool) and prints, per
frame (method with its parameter types, line numbers dropped), its self share
(the sampled thread was running that method) and its inclusive share (the
method was anywhere on the stack; counted once per sample), as percentages of
the samples kept. `--thread` keeps the samples of matching threads (for
example `Executor task launch` for Spark tasks), `--filter` keeps the samples
whose stack has a frame that matches (for example one aggregation phase's
entry point). `--callers` is the caller-chain view instead: for every kept
sample with a matching frame, the chain of the `--depth` frames above the
innermost match, most frequent chains first.

Pass `--stack-depth` to `jfr print`: its default of 5 frames hides the
callers, and inclusive shares then read low.
"""
import argparse
import collections
import re
import sys

LINE = re.compile(r"\s+line: \d+.*$")


def samples(lines):
    """Yield (thread, frames innermost first) per jdk.ExecutionSample."""
    thread, frames, in_stack = None, None, False
    for raw in lines:
        line = raw.strip()
        if line.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = "", [], False
        elif frames is None:
            continue
        elif line.startswith("sampledThread"):
            m = re.search(r'"(.*)"', line)
            thread = m.group(1) if m else line
        elif line.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and line == "]":
            in_stack = False
        elif in_stack and line and line != "...":
            frames.append(LINE.sub("", line))
        elif line == "}" and not in_stack:
            yield thread, frames
            frames = None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("file", help="`jfr print` output, or - for standard input")
    ap.add_argument("--thread", help="keep samples of threads whose name matches")
    ap.add_argument("--filter", help="keep samples with a frame that matches")
    ap.add_argument("--top", type=int, default=30, help="frames to list (default 30)")
    ap.add_argument("--sort", choices=("self", "incl"), default="self")
    ap.add_argument("--callers", help="caller-chain view of the frames that match")
    ap.add_argument("--depth", type=int, default=4, help="caller frames per chain (default 4)")
    args = ap.parse_args()

    src = sys.stdin if args.file == "-" else open(args.file, errors="replace")
    thread_re = re.compile(args.thread) if args.thread else None
    filter_re = re.compile(args.filter) if args.filter else None
    callers_re = re.compile(args.callers) if args.callers else None

    kept = 0
    self_n, incl_n, chains = collections.Counter(), collections.Counter(), collections.Counter()
    for thread, frames in samples(src):
        if not frames:
            continue
        if thread_re and not thread_re.search(thread):
            continue
        if filter_re and not any(filter_re.search(f) for f in frames):
            continue
        kept += 1
        if callers_re:
            hit = next((i for i, f in enumerate(frames) if callers_re.search(f)), None)
            if hit is not None:
                chains[tuple(frames[hit:hit + 1 + args.depth])] += 1
            continue
        self_n[frames[0]] += 1
        for f in set(frames):
            incl_n[f] += 1

    print(f"samples kept: {kept}")
    if not kept:
        return
    if callers_re:
        matched = sum(chains.values())
        print(f"samples with a matching frame: {matched} ({100.0 * matched / kept:.1f}%)")
        for chain, n in chains.most_common(args.top):
            print(f"{100.0 * n / kept:6.1f}%  {chain[0]}")
            for f in chain[1:]:
                print(f"         <- {f}")
        return
    order = self_n if args.sort == "self" else incl_n
    print(f"{'self%':>6} {'incl%':>6}  frame")
    for f, _ in order.most_common(args.top):
        print(f"{100.0 * self_n[f] / kept:6.1f} {100.0 * incl_n[f] / kept:6.1f}  {f}")


if __name__ == "__main__":
    main()
